"""Opaque media columns (image/audio/video) with typed metadata (C15).

The round brief mandates: treat media as `binary` columns + typed
metadata; implement decode / feature-extract / resize / frame-sample as
pandas UDFs over `mapInPandas`; the image/audio libs are absent from
the container, so real codec work is stubbed behind import-tries /
`NotImplementedError` while the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested.

Deterministic container format used by the stubs (so every operator has
checkable behavior without codec libs):
    IMG1|<width>|<height>|<channels>|payload...
    AUD1|<sample_rate>|<n_samples>|payload...
    VID1|<fps>|<n_frames>|frame0\\x00frame1\\x00...
A real deployment swaps the parser for PIL/libav behind the same
schemas.

Scale notes: all operators are stateless mapInPandas / pandas UDFs —
no shuffle, linear scans, Arrow-batched both directions. Media bytes
ride parquet binary columns, so scans split inside files and column
pruning keeps metadata-only queries from reading payloads (the 100 TB
path: store metadata columns beside the blob, query metadata, fetch
blobs late)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from data_ingestion_tool_bakasura__spark.session import reliable_checkpoint
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def _parse_header(b: bytes) -> dict:
    if b is None:
        raise ValueError("null media payload")
    from data_ingestion_tool_bakasura__spark.multimodal import avi as _avi

    if _avi.is_avi(b):  # real RIFF/AVI container (r11)
        return _avi.avi_meta(b)
    head = bytes(b).split(b"|", 4)
    magic = head[0].decode("ascii", "replace")
    if magic == "IMG1" and len(head) >= 4:
        return {
            "format": "IMG1",
            "width": int(head[1]),
            "height": int(head[2]),
            "channels": int(head[3]),
        }
    if magic == "AUD1" and len(head) >= 3:
        return {"format": "AUD1", "sample_rate": int(head[1]), "n_samples": int(head[2])}
    if magic == "VID1" and len(head) >= 3:
        return {"format": "VID1", "fps": int(head[1]), "n_frames": int(head[2])}
    raise ValueError(f"unknown media magic {magic!r}")


def with_image_meta(df: DataFrame, media_col: str = "media", out: str = "meta") -> DataFrame:
    """Attach typed image metadata parsed from the binary column; parse
    failures land in ``meta.error`` (dead-letter, job never dies)."""

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for b in pdf["_media"]:
                try:
                    h = _parse_header(b)
                    rows.append(
                        (h.get("width"), h.get("height"), h.get("channels"),
                         len(bytes(b)), h["format"], None)
                    )
                except Exception as e:
                    rows.append((None, None, None, None, None, f"{type(e).__name__}: {e}"))
            out_pdf = pd.DataFrame(rows, columns=IMAGE_META_SCHEMA.fieldNames())
            out_pdf["_row_id"] = pdf["_row_id"].values
            yield out_pdf

    schema = T.StructType(
        [*IMAGE_META_SCHEMA.fields, T.StructField("_row_id", T.LongType())]
    )
    tagged = df.withColumn("_row_id", F.monotonically_increasing_id())
    metas = tagged.select(F.col(media_col).alias("_media"), "_row_id").mapInPandas(
        _meta, schema=schema
    )
    meta_struct = F.struct(*[F.col(f.name) for f in IMAGE_META_SCHEMA.fields]).alias(out)
    return tagged.join(metas.select("_row_id", meta_struct), on="_row_id").drop("_row_id")


def decode_image(b: bytes):
    """Real pixel decode with content-sniffing dispatch (round 11):

    - ``\\x89PNG`` magic -> the stdlib baseline decoder
      (:mod:`.png` — zlib inflate + scanline unfilter, no third-party
      imports), returning ``(width, height, channels, pixels)``; runs
      UNGATED in this container.
    - ``\\xff\\xd8`` (JPEG) -> PIL when importable (full color);
      otherwise the stdlib baseline **luma** decoder (:mod:`.jpeg` —
      Huffman entropy decode + IDCT, Y plane only), returning
      ``(width, height, 1, luma)``; progressive JPEGs still need PIL.
    - anything else (GIF/TIFF/...) -> PIL when importable (returns a
      PIL Image), else ``NotImplementedError`` — the same
      gated-provider seam as the fitz/tesseract legs.

    Reference analog: real pixmap rendering at
    ``embedding_utils.py:145-146``."""
    from data_ingestion_tool_bakasura__spark.multimodal import png as _png

    if _png.is_png(bytes(b) if b is not None else None):
        return _png.decode_png(bytes(b))
    try:
        from PIL import Image  # type: ignore
        import io

        return Image.open(io.BytesIO(bytes(b)))  # pragma: no cover
    except ImportError as e:
        if b is not None and bytes(b[:2]) == b"\xff\xd8":
            from data_ingestion_tool_bakasura__spark.multimodal import jpeg as _jpeg

            w, h, luma = _jpeg.decode_jpeg_luma(bytes(b))
            return w, h, 1, luma
        if b is not None and bytes(b[:6]) in (b"GIF87a", b"GIF89a"):
            from data_ingestion_tool_bakasura__spark.multimodal import gif as _gif

            w, h, luma = _gif.decode_gif_luma(bytes(b))
            return w, h, 1, luma
        if b is not None and bytes(b[:2]) == b"BM":
            from data_ingestion_tool_bakasura__spark.multimodal import bmp as _bmp

            w, h, luma = _bmp.decode_bmp_luma(bytes(b))
            return w, h, 1, luma
        raise NotImplementedError(
            "image codecs beyond PNG/JPEG/GIF/BMP need PIL (not installed "
            "in this container); those four decode via the stdlib paths "
            "above"
        ) from e


@F.pandas_udf(T.BinaryType())
def resize_image_stub(media: pd.Series, target_w: pd.Series) -> pd.Series:
    """Resize as a binary->binary Arrow-batched pandas UDF. The stub
    rewrites the header dims deterministically (real impl: PIL resize
    behind the same signature) and scales height to keep aspect."""

    def _resize(b, w):
        if b is None:
            return None
        try:
            h = _parse_header(b)
            if h["format"] != "IMG1":
                return None
            new_w = int(w)
            new_h = max(1, round(h["height"] * new_w / max(1, h["width"])))
            payload = bytes(b).split(b"|", 4)[-1]
            return b"IMG1|%d|%d|%d|%s" % (new_w, new_h, h["channels"], payload)
        except Exception:
            return None

    return pd.Series([_resize(b, w) for b, w in zip(media, target_w)])


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, every_k: int = 2, id_col: str = "media_id", media_col: str = "media"
) -> DataFrame:
    """Explode every k-th frame of VID1 or RIFF/AVI payloads ->
    (video_id, frame_index, frame). AVI frames are the raw ``##dc``
    chunk payloads — for MJPEG each is a complete JPEG, so the
    downstream ahash64 dispatch hashes REAL pixels (multimodal/avi.py;
    the VID1 synthetic container remains the stand-in for codecs that
    need libav). Row explosion (frames per video) is the scale knob —
    sample BEFORE any shuffle."""
    from data_ingestion_tool_bakasura__spark.multimodal import avi as _avi

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids, idxs, frames = [], [], []
            for vid, b in zip(pdf["_id"], pdf["_media"]):
                if b is None:
                    continue
                if _avi.is_avi(b):
                    split = _avi.avi_frames(bytes(b))
                else:
                    try:
                        h = _parse_header(b)
                        if h["format"] != "VID1":
                            continue
                    except Exception:
                        continue
                    payload = bytes(b).split(b"|", 3)[-1]
                    if not payload:  # zero-frame video, not one empty frame
                        continue
                    split = payload.split(b"\x00")
                for i, frame in enumerate(split):
                    if i % every_k == 0:
                        vids.append(str(vid))
                        idxs.append(i)
                        frames.append(frame)
            yield pd.DataFrame({"video_id": vids, "frame_index": idxs, "frame": frames})

    src = df.select(F.col(id_col).alias("_id"), F.col(media_col).alias("_media"))
    return src.mapInPandas(_frames, schema=FRAME_SCHEMA)


def wav_features_py(raw: bytes) -> tuple[int, int, float, float]:
    """Real-audio leg (r11): RIFF/WAVE PCM via the stdlib ``wave``
    module -> (sample_rate, n_samples, duration_s, energy) where
    energy is the mean square of [-1, 1]-normalized samples (averaged
    across channels' interleaved stream). 8/16/32-bit integer PCM;
    float/compressed WAV raises ``ValueError`` (the librosa leg's
    territory)."""
    import io
    import struct as _struct
    import wave

    try:
        with wave.open(io.BytesIO(raw)) as wf:
            sr = wf.getframerate()
            n = wf.getnframes()
            sw = wf.getsampwidth()
            frames = wf.readframes(n)
    except (wave.Error, EOFError) as e:
        raise ValueError(f"malformed WAV: {e}") from e
    if sw == 1:  # unsigned 8-bit
        vals = [(x - 128) / 128.0 for x in frames]
    elif sw == 2:
        cnt = len(frames) // 2
        vals = [v / 32768.0 for v in _struct.unpack(f"<{cnt}h", frames[: 2 * cnt])]
    elif sw == 4:
        cnt = len(frames) // 4
        vals = [v / 2147483648.0
                for v in _struct.unpack(f"<{cnt}i", frames[: 4 * cnt])]
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    energy = (sum(v * v for v in vals) / len(vals)) if vals else 0.0
    return sr, n, n / sr if sr else 0.0, energy


def audio_features(df: DataFrame, id_col: str = "media_id", media_col: str = "media") -> DataFrame:
    """Duration + energy features for audio payloads: REAL RIFF/WAVE
    PCM decodes via the stdlib ``wave`` module (energy = mean square
    of normalized samples); the deterministic ``AUD1`` container keeps
    its byte-energy stand-in semantics; other formats (mp3/ogg/flac)
    are the gated librosa/torchaudio slot behind this same schema."""
    schema = T.StructType(
        [
            T.StructField("audio_id", T.StringType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("byte_energy", T.DoubleType()),
        ]
    )

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, b in zip(pdf["_id"], pdf["_media"]):
                if b is None:
                    continue
                raw = bytes(b)
                if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
                    try:
                        sr, ns, dur, energy = wav_features_py(raw)
                    except ValueError:
                        continue  # float/compressed WAV: librosa leg
                    rows.append((str(aid), sr, ns, dur, round(energy, 6)))
                    continue
                try:
                    h = _parse_header(b)
                    if h["format"] != "AUD1":
                        continue
                except Exception:
                    continue
                payload = raw.split(b"|", 3)[-1]
                energy = (sum(x * x for x in payload) / len(payload)) if payload else 0.0
                # a crafted AUD1 header with sample_rate 0 must not
                # kill the task (r17, reproduced: ZeroDivisionError
                # escaped the _parse_header catch) — duration 0.0,
                # the same guard the WAVE leg carries
                sr = h["sample_rate"]
                rows.append(
                    (str(aid), sr, h["n_samples"],
                     h["n_samples"] / sr if sr else 0.0, round(energy, 6))
                )
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    src = df.select(F.col(id_col).alias("_id"), F.col(media_col).alias("_media"))
    return src.mapInPandas(_feat, schema=schema)


# ---------------------------------------------------------------------------
# image perceptual hashing + near-dup (the multimodal dedup flagship)
# ---------------------------------------------------------------------------

AHASH_BITS = 64


def ahash64_udf():
    """Average-hash (aHash) of an image payload as a 64-char '0'/'1'
    string — the classic perceptual fingerprint (mean-threshold bits
    over an 8x8 luma downsample; public domain technique, cf. the
    pHash family).

    Real-pixel leg (round 11): payloads with the PNG magic decode via
    the stdlib baseline decoder (:mod:`.png`) and hash their actual
    8x8 luma downsample — ungated in this container. All other
    payloads take the deterministic block-digest stand-in: the payload
    string is cut into 64 equal CHARACTER blocks (tail beyond 64*L
    ignored, L = max(1, len//64)) and "luma" pixel i is the first
    byte of md5(block_i). Near-identical payloads differ in few blocks
    -> few pixels -> small Hamming distance, which is exactly the
    structure aHash exploits on real pixels. Kept as a REAL
    Arrow-batched pandas UDF (the production seam point); the stand-in
    arithmetic is deliberately SQL-mirrorable (md5 over substrings),
    so q_image_near_dup is value-checked against DuckDB end-to-end
    (its fixture payloads are text, never PNG).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _ahash(payload: pd.Series) -> pd.Series:
        return pd.Series([None if s is None else ahash64_py(s) for s in payload])

    return _ahash


def ahash64_py(s) -> str:
    """The pure scalar core of :func:`ahash64_udf` (also what the
    property tests drive): 64-char '0'/'1' mean-threshold hash.
    Accepts str or bytes (latin-1 decode keeps block boundaries
    byte-exact).

    Content-sniffing dispatch (round 11): a payload with the
    ``\\x89PNG`` magic is hashed over its REAL PIXELS (stdlib decode +
    8x8 luma average-pool, :func:`.png.ahash64_png`) — same output
    convention, same banded near-dup machinery downstream, ungated in
    this container. Every other payload (the ``IMG1|`` container, and
    arbitrary bytes) takes the original block-digest stand-in,
    byte-identical to previous rounds (the q_image_near_dup DuckDB
    oracle mirrors exactly that arithmetic). A malformed/unsupported
    PNG (interlaced, 16-bit) falls back to the stand-in rather than
    erroring — dead-letter philosophy: the hash is still deterministic
    and near-dup still pairs byte-similar payloads."""
    import hashlib

    from data_ingestion_tool_bakasura__spark.multimodal import png as _png

    raw = bytes(s) if isinstance(s, (bytes, bytearray)) else None
    if raw is None and isinstance(s, str):
        try:
            raw = s.encode("latin-1")  # exact byte roundtrip when possible
        except UnicodeEncodeError:
            raw = None
    if raw is not None and _png.is_png(raw):
        try:
            return _png.ahash64_png(raw)
        except ValueError:
            pass  # unsupported PNG corner -> deterministic stand-in
    if raw is not None and raw[:2] == b"\xff\xd8":
        from data_ingestion_tool_bakasura__spark.multimodal import jpeg as _jpeg

        try:
            return _jpeg.ahash64_jpeg(raw)
        except ValueError:
            pass  # progressive/arithmetic/12-bit -> deterministic stand-in
    if raw is not None and raw[:6] in (b"GIF87a", b"GIF89a"):
        from data_ingestion_tool_bakasura__spark.multimodal import gif as _gif

        try:
            return _gif.ahash64_gif(raw)
        except ValueError:
            pass  # malformed -> deterministic stand-in
    if raw is not None and raw[:2] == b"BM":
        from data_ingestion_tool_bakasura__spark.multimodal import bmp as _bmp

        try:
            return _bmp.ahash64_bmp(raw)
        except ValueError:
            pass  # RLE/bitfields/malformed -> deterministic stand-in
    if isinstance(s, (bytes, bytearray)):
        s = bytes(s).decode("latin-1")
    n = len(s)
    L = max(1, n // AHASH_BITS)
    px = [
        hashlib.md5(s[i * L : i * L + L].encode("utf-8")).digest()[0]
        for i in range(AHASH_BITS)
    ]
    mean = sum(px) / AHASH_BITS
    return "".join("1" if p > mean else "0" for p in px)


def _banded(h: DataFrame, bands: int, id_col: str = "_id", hash_col: str = "_h") -> DataFrame:
    """Explode an (id, 64-char hash) table into one row per (id, hash,
    band ordinal, band substring) — the candidate-join key table shared
    by the batch and incremental image near-dup paths."""
    band_w = AHASH_BITS // bands
    return h.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bi"),
                    F.substring(F.col(hash_col), i * band_w + 1, band_w).alias("bv"),
                )
                for i in range(bands)
            ])
        ).alias("bb"),
    ).select("_id", "_h", "bb.bi", "bb.bv")


def _oversized_bands(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """(bi, bv) keys whose bucket exceeds the cap — the boilerplate
    buckets (blank/solid/logo images that hash identically without
    being byte-identical). The few oversized keys broadcast."""
    return (
        banded.groupBy("bi", "bv")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > max_bucket_size)
    )


def image_band_stats(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_bucket_size: int = 100,
) -> DataFrame:
    """The dropped-bucket accounting for :func:`image_near_dup`'s cap:
    ``(bi, bv, n_members)`` for every band bucket that WOULD be dropped
    at the given cap. Run this when the pair counts look suspiciously
    low — each returned row is a boilerplate cluster whose ~n^2/2
    within-bucket pairs the cap refused to emit."""
    h = image_hash_index(df, id_col=id_col, payload_col=payload_col)
    return _oversized_bands(
        _banded(h, bands, "media_id", "ahash"), max_bucket_size
    ).orderBy(F.desc("n_members"), "bi", "bv")


def image_near_dup(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_hamming: int = 8,
    max_bucket_size: int | None = 100,
) -> DataFrame:
    """Near-duplicate image pairs by banded aHash + exact Hamming
    verify — the image-side twin of SimHash text dedup, and the op a
    multimodal training corpus needs at scale (screenshot/thumbnail/
    re-encode duplicates survive exact byte dedup).

    Candidate generation is an equi-join on (band_index, band_bits):
    two 64-bit hashes within Hamming distance ``max_hamming`` share at
    least one identical 16-bit band whenever ``max_hamming < bands``
    (pigeonhole). With the defaults (4 bands, budget 8) recall is
    GUARANTEED through distance 3 and measured 0.90 / 0.74 / 0.58 /
    0.44 / 0.33 at distances 4-8 (uniform flip model; table in
    ANN.md) — which is the right trade because measured aHash
    near-dups CONCENTRATE in the guaranteed-or-near region (a
    single-char edit lands at d <= 4, mean 0.8; corrupting a 5%
    contiguous span lands at mean 2.8, p99 = 7), while a band narrow
    enough to guarantee d = 8 on a 64-bit code would admit ~7%+ of
    ALL pairs as candidates. Heavier-corruption regimes should raise
    ``bands`` knowingly (cost table in ANN.md) rather than trust a
    false guarantee. Verification is exact Hamming on candidates
    only. Exchanges carry (id, 16-char
    band) and (id, id, distance) scalar rows — never payloads. Run
    exact byte dedup FIRST: byte-identical images share all bands and
    an n-identical cluster would emit n^2/2 candidate pairs.

    ``max_bucket_size`` (r8 verdict #2) is the guard byte dedup can NOT
    provide: aHash-identical-but-byte-different boilerplate (blank
    pages, solid thumbnails, logos re-encoded at different quality)
    shares every band, and one 10^6-member bucket would emit ~5x10^11
    candidates before the Hamming filter. Buckets over the cap are
    dropped before the self-join via a broadcast anti-join on the few
    oversized (band, bits) keys — the ``minhash_lsh_candidates``
    precedent — keeping worst-case cost linear in corpus size; capped
    output is always a subset of uncapped (property-tested). Audit
    what a cap dropped with :func:`image_band_stats`; recall effect
    quantified in ANN.md. ``None`` disables.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``, one row
    per pair. Payload-agnostic: the hash accepts string OR binary
    columns, so the same operator dedups audio payloads (AUD1 bytes)
    or any other opaque blob — only videos need the frame-set
    treatment (:func:`video_near_dup`), because trims/re-encodes
    change the container bytes wholesale.

    The (id, hash) table is checkpointed (``reliable_checkpoint``)
    before the self-join — without it both join branches re-decode and
    re-hash every payload (Spark does not CSE across self-join
    branches; measured 3.5s -> 1.9s at sf0.1). The checkpointed table
    is 65 bytes/row — it is exactly the hash INDEX a production
    pipeline would persist to parquet and band-join incrementally,
    the ``ann_index`` pattern.
    """
    # Null guard on the INPUT column, not the UDF output: a filter on
    # the hash column is pushed below the projection and duplicates the
    # ArrowEvalPython node (optimization guide §4.4 — every payload
    # hashed twice; verified in the executed plan). _ahash(x) is NULL
    # iff x is NULL, so the input-side filter is exactly equivalent.
    h = df.filter(F.col(payload_col).isNotNull()).select(
        F.col(id_col).alias("_id"), ahash64_udf()(F.col(payload_col)).alias("_h")
    )
    h = reliable_checkpoint(h)
    b = _banded(h, bands)
    if max_bucket_size is not None:
        big = _oversized_bands(b, max_bucket_size).select("bi", "bv")
        b = b.join(F.broadcast(big), ["bi", "bv"], "left_anti")
    pairs = (
        b.alias("x")
        .join(b.alias("y"), ["bi", "bv"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.col("x._h").alias("ha"),
            F.col("y._h").alias("hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.expr(
        "aggregate(sequence(1, 64), 0,"
        " (acc, i) -> acc + IF(substring(ha, i, 1) <> substring(hb, i, 1), 1, 0))"
    )
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def video_near_dup(
    df: DataFrame,
    id_col: str = "media_id",
    media_col: str = "media",
    every_k: int = 2,
    min_jaccard: float = 0.5,
    max_videos_per_frame: int = 50,
) -> DataFrame:
    """Near-duplicate video pairs by shot-fingerprint Jaccard — the
    standard video-dedup shape (re-encodes, trims and overlays share
    most sampled frames even when no two files share a byte): sample
    every k-th frame, perceptual-hash each frame
    (:func:`ahash64_udf`), treat a video as its SET of frame hashes,
    and score candidate pairs by Jaccard over those sets.

    Scale shape: candidates come from an equi-join on the frame hash —
    two videos meet only if they share at least one hashed frame, so
    the join is bucketed by content, never all-pairs. Frame hashes
    seen in more than ``max_videos_per_frame`` videos (black frames,
    station idents — the boilerplate buckets) are dropped from
    CANDIDATE GENERATION and from the set sizes symmetrically, the
    same oversized-bucket cap as MinHash LSH; exchanges carry
    (video_id, 64-char hash) and (id, id, counts) rows, never frames.

    Returns ``(id_a, id_b, shared, n_a, n_b, jaccard)`` with
    ``id_a < id_b`` and ``jaccard`` rounded to 6 decimals.
    """
    frames = sample_frames(df, every_k=every_k, id_col=id_col, media_col=media_col)
    # Null guard on the INPUT column (frame), not the hash output: an
    # isNotNull filter on the UDF column is pushed below the projection
    # and duplicates the ArrowEvalPython node (guide §4.4 — every frame
    # hashed twice). _ahash(x) is NULL iff x is NULL, so this is exact.
    fh = (
        frames.filter(F.col("frame").isNotNull())
        .select("video_id", ahash64_udf()(F.col("frame")).alias("fh"))
        .distinct()
        # share point, not a write-ordering barrier: it sits BEFORE the
        # hot-frame cap because the cap's own aggregate reads this
        # frame too — shared after the anti-join (the r11 form), one
        # materialization ran the sample+hash subtree twice (once under
        # `hot`, once under the anti-join's left side; seen in the
        # executed plan as two full MapInPandas+ArrowEvalPython trees).
        # reliable_checkpoint, not persist (r18, VERDICT r17 #6): the
        # two persists stayed registered in the CacheManager for the
        # app lifetime with no caller handle to unpersist — a long
        # session composing many near-dup calls accumulates pinned
        # frame tables (guide §5). Checkpoint blocks are GC-scoped:
        # once the returned pairs frame is materialized and released,
        # ContextCleaner frees them (this raw table's blocks already
        # when the capped checkpoint below cuts its lineage). Same
        # eager-at-construction contract as image_near_dup's hash-table
        # checkpoint; the frames are hashed exactly once either way.
        .transform(reliable_checkpoint)
    )
    # boilerplate cap: drop hashes shared by too many videos (both from
    # candidates AND from sizes, keeping jaccard self-consistent)
    hot = (
        fh.groupBy("fh")
        .agg(F.countDistinct("video_id").alias("nv"))
        .filter(F.col("nv") > max_videos_per_frame)
        .select("fh")
    )
    # second (tiny) share point: sizes and both self-join sides read
    # the capped frame; without it AQE re-runs the hot/anti stages per
    # consumer (measured r17: 30 jobs vs 22 for the whole query)
    fh = fh.join(F.broadcast(hot), "fh", "left_anti").transform(reliable_checkpoint)
    sizes = fh.groupBy("video_id").agg(F.count("*").alias("n"))
    shared = (
        fh.alias("a")
        .join(fh.alias("b"), "fh")
        .filter(F.col("a.video_id") < F.col("b.video_id"))
        .groupBy(
            F.col("a.video_id").alias("id_a"), F.col("b.video_id").alias("id_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(F.broadcast(sizes.withColumnRenamed("video_id", "id_a").withColumnRenamed("n", "n_a")), "id_a")
        .join(F.broadcast(sizes.withColumnRenamed("video_id", "id_b").withColumnRenamed("n", "n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )



def video_fingerprint_index(
    df: DataFrame,
    id_col: str = "media_id",
    media_col: str = "media",
    every_k: int = 2,
) -> DataFrame:
    """The persistable half of :func:`video_near_dup`: distinct
    ``(video_id, fh)`` shot-fingerprint rows — write once per corpus,
    probe increments against it forever (the ``image_hash_index``
    pattern; videos are sampled + hashed exactly once, ever)."""
    frames = sample_frames(df, every_k=every_k, id_col=id_col, media_col=media_col)
    # input-side null guard: equivalent to filtering the hash output
    # (NULL iff input NULL) without the §4.4 double-ArrowEvalPython
    return (
        frames.filter(F.col("frame").isNotNull())
        .select("video_id", ahash64_udf()(F.col("frame")).alias("fh"))
        .distinct()
    )


def video_near_dup_increment(
    index: DataFrame,
    new_videos: DataFrame,
    id_col: str = "media_id",
    media_col: str = "media",
    every_k: int = 2,
    min_jaccard: float = 0.5,
    max_videos_per_frame: int | None = 50,
    new_fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Probe a wave of NEW videos against a persisted
    :func:`video_fingerprint_index` (plus each other): only the wave
    is sampled and hashed; the corpus contributes its fingerprint
    rows. Same contracts as :func:`image_near_dup_increment`:

    - append-only — wave ids already present in the index are dropped
      by an anti-join, so a replayed wave is a no-op;
    - ``new_fingerprints`` lets a caller that already holds the
      wave's index rows (the streaming sink) pass them in so the
      hash pass runs once, not once per consumer;
    - the hot-frame boilerplate cap counts distinct videos per frame
      hash over index+wave COMBINED (the populations a full recompute
      would see), and sizes are post-cap, restricted to candidate
      videos so an increment never sizes the untouched corpus.

    Pairs are ``(id_a, id_b, shared, n_a, n_b, jaccard)`` with
    ``id_b`` always the new video (index witness) or the
    lexicographically larger within-wave id — union the wave's
    fingerprint rows into the index afterwards."""
    idx_ids = index.select("video_id").distinct()
    if new_fingerprints is None:
        new_fingerprints = video_fingerprint_index(
            new_videos, id_col=id_col, media_col=media_col, every_k=every_k
        )
    new_fp = new_fingerprints.join(idx_ids, "video_id", "left_anti")
    if max_videos_per_frame is not None:
        hot = (
            index.unionByName(new_fp)
            .groupBy("fh")
            .agg(F.countDistinct("video_id").alias("nv"))
            .filter(F.col("nv") > max_videos_per_frame)
            .select("fh")
        )
        idx_f = index.join(F.broadcast(hot), "fh", "left_anti")
        new_f = new_fp.join(F.broadcast(hot), "fh", "left_anti")
    else:
        idx_f, new_f = index, new_fp
    # share point (feeds both join legs + sizes); reliable_checkpoint,
    # not persist (r18): this operator runs inside the streaming
    # foreachBatch sink, where a per-batch persist with no unpersist
    # accumulates one CacheManager registration per micro-batch for
    # the app lifetime — checkpoint blocks are GC-scoped instead
    new_f = new_f.transform(reliable_checkpoint)
    base = idx_f.alias("x").join(new_f.alias("y"), "fh").select(
        F.col("x.video_id").alias("id_a"), F.col("y.video_id").alias("id_b")
    )
    wave = (
        new_f.alias("x")
        .join(new_f.alias("y"), "fh")
        .filter(F.col("x.video_id") < F.col("y.video_id"))
        .select(
            F.col("x.video_id").alias("id_a"), F.col("y.video_id").alias("id_b")
        )
    )
    shared = (
        base.unionByName(wave)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    cand = (
        shared.select(F.col("id_a").alias("video_id"))
        .unionAll(shared.select(F.col("id_b")))
        .distinct()
    )
    sizes = (
        idx_f.unionByName(new_f)
        .join(cand, "video_id", "left_semi")
        .groupBy("video_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        shared.join(
            F.broadcast(
                sizes.withColumnRenamed("video_id", "id_a").withColumnRenamed("n", "n_a")
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sizes.withColumnRenamed("video_id", "id_b").withColumnRenamed("n", "n_b")
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )

def image_hash_index(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """The persistable half of :func:`image_near_dup`: ``(media_id,
    ahash)`` rows, 65 bytes each — write once per corpus, band-join
    increments against it forever (the ``ann_index`` /
    ``span_gram_index`` pattern; images are hashed exactly once)."""
    # input-side null guard: equivalent to filtering the hash output
    # (NULL iff input NULL) without the §4.4 double-ArrowEvalPython
    return df.filter(F.col(payload_col).isNotNull()).select(
        F.col(id_col).alias("media_id"),
        ahash64_udf()(F.col(payload_col)).alias("ahash"),
    )


def image_near_dup_increment(
    index: DataFrame,
    new_images: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_hamming: int = 8,
    max_bucket_size: int | None = 100,
    new_hashes: DataFrame | None = None,
) -> DataFrame:
    """Probe a wave of NEW images against a persisted
    :func:`image_hash_index` (plus each other): only the wave is
    hashed; the corpus contributes its 65-byte hash rows.
    ``new_hashes`` lets a caller that already holds the wave's
    ``image_hash_index`` rows (e.g. the streaming sink, which also
    appends them to the persisted index) pass them in so the
    perceptual-hash pass over the payloads runs once, not once per
    consumer — the ``minhash_lsh_increment new_keyed`` precedent. When
    given it must be the hash rows of exactly ``new_images``
    (``payload_col`` is then unused). Pairs are
    (id_a, id_b, hamming) where id_b is always the new image and id_a
    is its earlier (index) or lexicographically-smaller within-wave
    witness — union the returned wave hashes into the index afterwards
    (append-only, same contract as ``minhash_lsh_increment``).

    The append-only contract is enforced (r8 ADVICE): wave ids already
    present in the index are dropped by an anti-join before pairing, so
    a replayed wave is a no-op and a pair can never surface twice in
    mirrored (a, b)/(b, a) order across the two join legs.

    ``max_bucket_size`` mirrors :func:`image_near_dup`'s boilerplate
    cap; bucket sizes are counted over index+wave COMBINED (the same
    populations a full recompute would see — the
    ``minhash_lsh_increment`` precedent). ``None`` disables."""
    idx_ids = index.select(F.col("media_id")).distinct()
    if new_hashes is None:
        new_hashes = image_hash_index(
            new_images, id_col=id_col, payload_col=payload_col
        )
    new_h = new_hashes.join(idx_ids, "media_id", "left_anti").transform(reliable_checkpoint)

    idx_banded = _banded(index, bands, "media_id", "ahash")
    probe = _banded(new_h, bands, "media_id", "ahash")
    if max_bucket_size is not None:
        combined = (
            idx_banded.select("bi", "bv")
            .unionAll(probe.select("bi", "bv"))
            .groupBy("bi", "bv")
            .agg(F.count("*").alias("n_members"))
            .filter(F.col("n_members") > max_bucket_size)
            .select("bi", "bv")
        )
        idx_banded = idx_banded.join(F.broadcast(combined), ["bi", "bv"], "left_anti")
        probe = probe.join(F.broadcast(combined), ["bi", "bv"], "left_anti")

    def pair_cols(joined: DataFrame) -> DataFrame:
        return joined.select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.col("x._h").alias("ha"),
            F.col("y._h").alias("hb"),
        )

    # old-vs-new: every index hit witnesses the new image (wave ids are
    # disjoint from index ids after the anti-join, so no self-pairs and
    # no mirrored duplicates against the within-wave leg)
    base = pair_cols(
        idx_banded.alias("x").join(probe.alias("y"), ["bi", "bv"])
    )
    # new-vs-new: smaller id witnesses, as in the batch operator
    wave = pair_cols(
        probe.alias("x").join(probe.alias("y"), ["bi", "bv"]).filter(
            F.col("x._id") < F.col("y._id")
        )
    )
    pairs = base.unionByName(wave).dropDuplicates(["id_a", "id_b"])
    hamming = F.expr(
        "aggregate(sequence(1, 64), 0,"
        " (acc, i) -> acc + IF(substring(ha, i, 1) <> substring(hb, i, 1), 1, 0))"
    )
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )

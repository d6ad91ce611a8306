"""Perceptual media deduplication (scale extension): near-duplicate
detection for image/audio payloads, completing the dedup ladder across
modalities (text has exact → line → span → substring → MinHash →
SemDeDup; media previously had only the exact byte checksum in
``multimodal.checksum``).

This is the LAION-5B curation shape — a web-scale image corpus is
deduplicated on *perceptual* hashes (pHash-family) because the same
picture recurs across the crawl re-encoded, recompressed, or resized,
so byte checksums miss almost all of the duplication.  The reference
pipelines curate text only; this module is part of the
training-data-pipeline layer this engine adds on top (SURVEY §2 scale
extensions).

Components
----------
- :func:`dhash_bits` / :func:`ahash_bits` — difference hash / average
  hash (Krawetz) over decoded pixels.  PURE INTEGER arithmetic end to
  end: integer luma, floor-boundary box-mean downsample (``sum //
  area``), integer comparisons — bit-reproducible across engines,
  platforms, and libms (the repo-wide "no floats on a values surface"
  convention).
- :func:`image_hashes` — ``mapInPandas`` operator hashing a binary
  payload column through the injectable decoder seams
  (``functions.png.png_decoder`` / ``functions.jpeg.jpeg_decoder`` are
  real in-container); D8 sentinel rows on decode failure, payloads
  never shuffle (only 8-byte hashes leave the scan).
- :func:`audio_fingerprint_bits` / :func:`audio_hashes` — sign-of-
  energy-envelope fingerprint over PCM windows (the coarse
  Shazam/chromaprint shape reduced to exact integer arithmetic:
  window energy · n_windows  >  total energy · 1).
- :func:`hamming_neardup_pairs` — GENERIC banded Hamming near-dup join
  for any 64-bit hash column (dhash, ahash, audio fingerprints, and
  ``dedup.simhash64_fast`` alike).  Pigeonhole recall guarantee: with
  ``bands`` disjoint bit-bands, two hashes at Hamming distance ≤
  ``bands - 1`` MUST agree on at least one band, so the banded
  equi-join (never a cross join) finds every pair within
  ``max_distance ≤ bands - 1``.  Exact verify is
  ``bit_count(xor(a, b)) ≤ max_distance`` — both functions exist in
  Spark AND DuckDB with identical integer semantics, so the whole
  operator is values-grade oracle-expressible.
- :func:`media_dedup` — pairs → connected components → one canonical
  survivor per perceptual cluster (``components.dedup_by_components``).
- :func:`hamming_dedup_incremental` — new shard × kept corpus, the
  ingestion pattern (``dedup.minhash_dedup_incremental`` mirror):
  per-shard cost, never corpus².
- :func:`auto_image_decoder` — magic-byte PNG/JPEG dispatch so a mixed
  crawl hashes one picture identically across container formats.
- :func:`video_frame_hashes` / :func:`video_neardup_pairs` — video
  dedup by frame-signature voting: per-frame dhashes (injectable
  ``frame_extractor`` seam; :func:`framepack_extractor` is the
  in-container reference), banded frame matches, then a per-video-pair
  containment vote — MinHash-LSH band voting one level up, with frame
  hashes as the "shingles" of a video.

100 TB design: hashing is one projected scan (payload → 8-byte hash,
nothing else shuffles); candidate generation is an equi-join on
(band_id, band_value) exactly like the MinHash LSH path; the verify is
a per-pair integer op.  Skewed bands (e.g. the all-black-image hash)
are bounded by ``max_bucket`` — buckets larger than the cap are
dropped with the same guardrail contract as ``ivf.semantic_dedup``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llmxmapreduce_spark.operators import components

# ---------------------------------------------------------------------------
# pure-integer pixel → hash primitives (run inside mapInPandas)
# ---------------------------------------------------------------------------


def pixels_to_gray(width: int, height: int, pixels: bytes) -> list[int]:
    """Row-major integer luma (0..255) from raw samples.

    Channel count is inferred from the buffer size (PNG's ``color_type``
    and JPEG's ``n_components`` differ as third tuple elements, but both
    decoders return row-major samples): 1 = gray, 2 = gray+alpha,
    3 = RGB, 4 = RGBA.  Luma is the exact integer BT.601 form
    ``(299·R + 587·G + 114·B) // 1000`` — no floats.
    """
    n = width * height
    if n == 0 or len(pixels) % n != 0:
        raise ValueError(
            f"pixel buffer ({len(pixels)} bytes) is not a whole number of "
            f"{width}x{height} planes")
    ch = len(pixels) // n
    if ch == 1:
        return list(pixels)
    if ch == 2:
        return list(pixels[0::2])
    if ch in (3, 4):
        r, g, b = pixels[0::ch], pixels[1::ch], pixels[2::ch]
        return [(299 * r[i] + 587 * g[i] + 114 * b[i]) // 1000
                for i in range(n)]
    raise ValueError(f"unsupported channel count {ch}")


def box_mean_grid(gray: list[int], width: int, height: int,
                  grid_w: int, grid_h: int) -> list[list[int]]:
    """Downsample to a ``grid_w`` × ``grid_h`` integer box-mean grid.

    Box boundaries are the floor rule ``x0 = (j·width) // grid_w`` (the
    same IEEE-free convention as ``zorder.py``'s lane quantizer); the
    mean is ``sum // area``.  Requires width ≥ grid_w and height ≥
    grid_h so every box is non-empty.
    """
    if width < grid_w or height < grid_h:
        raise ValueError(
            f"image {width}x{height} smaller than hash grid "
            f"{grid_w}x{grid_h}")
    grid = []
    for r in range(grid_h):
        y0, y1 = (r * height) // grid_h, ((r + 1) * height) // grid_h
        row = []
        for c in range(grid_w):
            x0, x1 = (c * width) // grid_w, ((c + 1) * width) // grid_w
            s = 0
            for y in range(y0, y1):
                base = y * width
                s += sum(gray[base + x0:base + x1])
            row.append(s // ((y1 - y0) * (x1 - x0)))
        grid.append(row)
    return grid


def _to_signed64(bits: int) -> int:
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def dhash_bits(width: int, height: int, pixels: bytes,
               hash_w: int = 8, hash_h: int = 8) -> int:
    """Difference hash: grid is (hash_w+1) × hash_h box means; bit
    ``r·hash_w + c`` is set iff ``grid[r][c+1] > grid[r][c]``.  Returns
    a SIGNED 64-bit int (Spark/DuckDB BIGINT); hash_w·hash_h must be
    ≤ 64."""
    if hash_w * hash_h > 64:
        raise ValueError("dhash wider than 64 bits")
    grid = box_mean_grid(pixels_to_gray(width, height, pixels),
                         width, height, hash_w + 1, hash_h)
    bits = 0
    for r in range(hash_h):
        for c in range(hash_w):
            if grid[r][c + 1] > grid[r][c]:
                bits |= 1 << (r * hash_w + c)
    return _to_signed64(bits)


def ahash_bits(width: int, height: int, pixels: bytes,
               hash_w: int = 8, hash_h: int = 8) -> int:
    """Average hash: bit set iff the box mean exceeds the grid-wide mean
    (integer ``sum // n``).  Same signed-64 packing as dhash."""
    if hash_w * hash_h > 64:
        raise ValueError("ahash wider than 64 bits")
    grid = box_mean_grid(pixels_to_gray(width, height, pixels),
                         width, height, hash_w, hash_h)
    flat = [v for row in grid for v in row]
    mean = sum(flat) // len(flat)
    bits = 0
    for i, v in enumerate(flat):
        if v > mean:
            bits |= 1 << i
    return _to_signed64(bits)


def audio_fingerprint_bits(frames, n_windows: int = 64) -> int:
    """Sign-of-energy-envelope fingerprint for centered integer PCM
    ``frames`` shaped (n_frames, n_channels) (``wav.decode_wav``
    output).  Channels are mixed by integer sum; the clip splits into
    ``n_windows`` floor-boundary windows; bit *w* is set iff the
    window's energy share exceeds the uniform share — the exact-integer
    comparison ``energy_w · n_windows > total_energy`` (cross-multiplied
    so no division ever happens).  Robust to volume scaling direction
    and codec-roundtrip noise the way a byte checksum is not."""
    if n_windows > 64:
        raise ValueError("fingerprint wider than 64 bits")
    mono = [int(sum(int(v) for v in fr)) for fr in frames]
    n = len(mono)
    if n < n_windows:
        raise ValueError(f"clip of {n} frames shorter than {n_windows} windows")
    energies = []
    for w in range(n_windows):
        a, b = (w * n) // n_windows, ((w + 1) * n) // n_windows
        energies.append(sum(v * v for v in mono[a:b]))
    total = sum(energies)
    bits = 0
    for w, e in enumerate(energies):
        if e * n_windows > total:
            bits |= 1 << w
    return _to_signed64(bits)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

IMAGE_HASHES = T.StructType([
    T.StructField("asset_id", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("dhash", T.LongType(), True),
    T.StructField("ahash", T.LongType(), True),
    T.StructField("decode_ok", T.BooleanType(), False),
    T.StructField("decode_error", T.StringType(), True),
])


def image_hashes(assets: DataFrame, decoder,
                 id_col: str = "asset_id", payload_col: str = "payload",
                 hash_w: int = 8, hash_h: int = 8,
                 with_ahash: bool = True) -> DataFrame:
    """Binary payloads → (dhash, ahash) rows via ``mapInPandas``.

    ``decoder(payload) -> (width, height, _, pixels)`` — the
    multimodal seam contract (``functions.png.png_decoder``,
    ``functions.jpeg.jpeg_decoder``, or a composite that dispatches on
    magic bytes).  Decode failures follow the D8 sentinel contract:
    the row flows on with ``decode_ok=false`` and null hashes.
    Payloads never leave the scan — the output is 8-byte hashes plus
    metadata, so at 100 TB only ~24 bytes/asset ever shuffle.
    ``with_ahash=False`` skips the average-hash pass (null column) for
    callers that dedup on dhash alone — one less full-pixel walk per
    asset.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                payload = r[payload_col] or b""
                out = {"asset_id": r[id_col], "n_bytes": len(payload),
                       "width": None, "height": None, "dhash": None,
                       "ahash": None, "decode_ok": True, "decode_error": None}
                try:
                    w, h, _, px = decoder(bytes(payload))
                    out["width"], out["height"] = int(w), int(h)
                    out["dhash"] = dhash_bits(w, h, px, hash_w, hash_h)
                    if with_ahash:
                        out["ahash"] = ahash_bits(w, h, px, hash_w, hash_h)
                except NotImplementedError as e:
                    out["decode_ok"], out["decode_error"] = False, \
                        f"decode stub: {e}"
                except Exception as e:  # noqa: BLE001
                    out["decode_ok"], out["decode_error"] = False, \
                        f"{type(e).__name__}: {e}"
                rows.append(out)
            yield pd.DataFrame(rows,
                               columns=[f.name for f in IMAGE_HASHES.fields])

    return assets.mapInPandas(run, schema=IMAGE_HASHES)


AUDIO_HASHES = T.StructType([
    T.StructField("asset_id", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_frames", T.LongType(), True),
    T.StructField("fingerprint", T.LongType(), True),
    T.StructField("decode_ok", T.BooleanType(), False),
    T.StructField("decode_error", T.StringType(), True),
])


def audio_hashes(assets: DataFrame, decoder,
                 id_col: str = "asset_id", payload_col: str = "payload",
                 n_windows: int = 64) -> DataFrame:
    """Binary PCM payloads → energy-envelope fingerprints.

    ``decoder(payload) -> (sample_rate, n_channels, sample_width,
    frames)`` — the ``functions.wav.decode_wav`` contract.  Same D8
    sentinel + hash-only-shuffle design as :func:`image_hashes`.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                payload = r[payload_col] or b""
                out = {"asset_id": r[id_col], "n_bytes": len(payload),
                       "sample_rate": None, "n_frames": None,
                       "fingerprint": None, "decode_ok": True,
                       "decode_error": None}
                try:
                    rate, _ch, _w, frames = decoder(bytes(payload))
                    out["sample_rate"] = int(rate)
                    out["n_frames"] = int(len(frames))
                    out["fingerprint"] = audio_fingerprint_bits(
                        frames, n_windows)
                except Exception as e:  # noqa: BLE001
                    out["decode_ok"], out["decode_error"] = False, \
                        f"{type(e).__name__}: {e}"
                rows.append(out)
            yield pd.DataFrame(rows,
                               columns=[f.name for f in AUDIO_HASHES.fields])

    return assets.mapInPandas(run, schema=AUDIO_HASHES)


def auto_image_decoder(payload: bytes):
    """Magic-byte dispatch to the in-container image codecs: PNG
    signature → ``png_decoder``, JPEG SOI → ``jpeg_decoder``; anything
    else raises ``ValueError`` (the D8 decode-failure contract).  The
    dispatcher a mixed crawl actually needs — a perceptual-dedup pass
    must hash the SAME picture identically whether it arrived as PNG or
    JPEG."""
    from llmxmapreduce_spark.functions.jpeg import jpeg_decoder
    from llmxmapreduce_spark.functions.png import png_decoder
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return png_decoder(payload)
    if payload[:2] == b"\xff\xd8":
        return jpeg_decoder(payload)
    raise ValueError("unrecognized image format (no PNG/JPEG magic)")


def _band_entries(df: DataFrame, id_col: str, hash_col: str,
                  bands: int, bits: int,
                  max_bucket: int | None) -> DataFrame:
    """(id, h, band_id, band_val) bucket entries — one row per band per
    non-null hash; oversized (band_id, band_val) buckets dropped when
    ``max_bucket`` is set."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    h = df.select(F.col(id_col).alias("id"),
                  F.col(hash_col).alias("h")).filter(F.col("h").isNotNull())
    entries = h.select(
        "id", "h",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(f"shiftright(h, {b * band_bits}) & {mask}")
                .alias("band_val"),
            ) for b in range(bands)
        ])).alias("e"),
    ).select("id", "h", "e.band_id", "e.band_val")
    if max_bucket is not None:
        entries = (
            entries.withColumn(
                "__bn",
                F.count("*").over(Window.partitionBy("band_id", "band_val")),
            )
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    return entries


def _check_band_args(bands: int, max_distance: int, bits: int) -> None:
    if bits % bands != 0:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    if max_distance > bands - 1:
        raise ValueError(
            f"max_distance={max_distance} needs at least "
            f"{max_distance + 1} bands for the pigeonhole recall "
            f"guarantee (got bands={bands})")


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str = "asset_id",
    hash_col: str = "dhash",
    bands: int = 4,
    max_distance: int = 3,
    bits: int = 64,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """All pairs within Hamming ``max_distance`` of a ``bits``-bit hash
    column → (id_a, id_b, distance).

    Candidate generation is the banded equi-join: the hash splits into
    ``bands`` disjoint bit-bands of ``bits // bands`` bits; by
    pigeonhole, hashes at distance ≤ bands−1 share at least one band, so
    recall is EXACTLY 1.0 whenever ``max_distance ≤ bands − 1``
    (enforced).  Verification is exact:
    ``bit_count(xor(h_a, h_b)) ≤ max_distance``.  Band extraction uses
    ``(h >> shift) & mask`` — the low bits of a shifted value are
    fill-agnostic, so arithmetic (Spark, DuckDB, Python) and logical
    shifts agree and the whole operator is portable across the oracle.

    ``max_bucket`` guards degenerate bands (the all-zero hash of blank
    images is the classic one): any (band, value) bucket larger than the
    cap is dropped — same contract as ``ivf.semantic_dedup``'s
    ``max_cell``.  Pass ``None`` to disable.  Null hashes (decode
    failures) never pair.
    """
    _check_band_args(bands, max_distance, bits)
    entries = _band_entries(df, id_col, hash_col, bands, bits, max_bucket)
    left, right = entries.alias("l"), entries.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.h").alias("h_a"), F.col("r.h").alias("h_b"))
        .distinct()
    )
    return (
        cand.withColumn("distance",
                        F.bit_count(F.expr("h_a ^ h_b")).cast("int"))
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "distance")
    )


def media_dedup(
    assets: DataFrame,
    hashes: DataFrame,
    id_col: str = "asset_id",
    hash_col: str = "dhash",
    bands: int = 4,
    max_distance: int = 3,
    max_bucket: int | None = 100_000,
    keep_by: str | None = None,
) -> DataFrame:
    """Keep one canonical asset per perceptual near-dup cluster.

    ``hashes`` is an :func:`image_hashes` / :func:`audio_hashes` output
    (or any (id, hash) table).  Pairs → connected components →
    ``components.dedup_by_components`` representative election (min-id,
    or best-``keep_by``); assets that pair with nothing survive
    untouched — including decode failures, which are a curation
    decision, not a dedup one.
    """
    pairs = hamming_neardup_pairs(
        hashes, id_col=id_col, hash_col=hash_col, bands=bands,
        max_distance=max_distance, max_bucket=max_bucket)
    return components.dedup_by_components(
        assets, pairs, id_col=id_col, keep_by=keep_by)


FRAMEPACK_MAGIC = b"FPK1"


def encode_framepack(frames: list[bytes]) -> bytes:
    """Pack encoded frame images into the trivial length-prefixed
    container (magic + u32 count + per-frame u32 length + bytes).  This
    is the REFERENCE container for tests — real
    video decode needs ffmpeg-class libraries, which follow the same
    injectable-extractor seam as the image/audio codecs."""
    import struct
    out = [FRAMEPACK_MAGIC, struct.pack(">I", len(frames))]
    for f in frames:
        out.append(struct.pack(">I", len(f)))
        out.append(f)
    return b"".join(out)


def decode_framepack(payload: bytes) -> list[bytes]:
    """Inverse of :func:`encode_framepack`; raises ``ValueError`` on
    anything malformed (the D8 decode-failure contract)."""
    import struct
    if payload[:4] != FRAMEPACK_MAGIC:
        raise ValueError("not a framepack (bad magic)")
    n, = struct.unpack(">I", payload[4:8])
    frames, pos = [], 8
    for _ in range(n):
        if pos + 4 > len(payload):
            raise ValueError("framepack truncated (missing length)")
        ln, = struct.unpack(">I", payload[pos:pos + 4])
        pos += 4
        if pos + ln > len(payload):
            raise ValueError("framepack truncated (missing frame bytes)")
        frames.append(payload[pos:pos + ln])
        pos += ln
    if pos != len(payload):
        raise ValueError("framepack has trailing bytes")
    return frames


def framepack_extractor(payload: bytes):
    """Drop-in ``frame_extractor`` for :func:`video_frame_hashes`:
    framepack container → decoded frames via the PNG/JPEG magic-byte
    dispatch."""
    return [auto_image_decoder(f) for f in decode_framepack(payload)]


VIDEO_FRAME_HASHES = T.StructType([
    T.StructField("asset_id", T.StringType(), False),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("frame_idx", T.IntegerType(), True),
    T.StructField("dhash", T.LongType(), True),
    T.StructField("decode_ok", T.BooleanType(), False),
    T.StructField("decode_error", T.StringType(), True),
])


def video_frame_hashes(assets: DataFrame, frame_extractor,
                       id_col: str = "asset_id",
                       payload_col: str = "payload",
                       hash_w: int = 8, hash_h: int = 8) -> DataFrame:
    """Video payloads → one (asset_id, frame_idx, dhash) row per frame.

    ``frame_extractor(payload) -> [(width, height, _, pixels), ...]``
    returns DECODED frames (sampled however the deployment likes — a
    real one composes ffmpeg with ``multimodal.frame_sample_plan`` so
    only keyframes/strided frames are decoded).  A failed asset yields
    ONE sentinel row (``decode_ok=false``, null frame_idx/hash) so the
    D8 dead-letter contract holds at the video level; per-frame decode
    errors fail the whole asset (a half-decoded video is not a
    signature).  Payloads never shuffle — per asset, the output is
    ~20 bytes per frame."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in VIDEO_FRAME_HASHES.fields]
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                payload = r[payload_col] or b""
                # per-asset staging list: a dhash failure on frame k must
                # not leave frames 0..k-1 behind next to the sentinel —
                # the whole asset fails or the whole asset hashes
                arows = []
                try:
                    frames = frame_extractor(bytes(payload))
                    for i, (w, h, _, px) in enumerate(frames):
                        arows.append({
                            "asset_id": r[id_col],
                            "n_frames": len(frames), "frame_idx": i,
                            "dhash": dhash_bits(w, h, px, hash_w, hash_h),
                            "decode_ok": True, "decode_error": None})
                except Exception as e:  # noqa: BLE001
                    arows = [{
                        "asset_id": r[id_col], "n_frames": None,
                        "frame_idx": None, "dhash": None,
                        "decode_ok": False,
                        "decode_error": f"{type(e).__name__}: {e}"}]
                rows.extend(arows)
            yield pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(run, schema=VIDEO_FRAME_HASHES)


def video_neardup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "asset_id",
    frame_col: str = "frame_idx",
    hash_col: str = "dhash",
    n_col: str = "n_frames",
    bands: int = 4,
    max_distance: int = 0,
    min_overlap: float = 0.5,
    bits: int = 64,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Video near-dup by frame-signature voting: two videos pair when
    enough of one's frames perceptually match frames of the other —
    (id_a, id_b, matched_a, matched_b, n_a, n_b, overlap).

    Frame matches are the banded-Hamming machinery per FRAME (distance
    ≤ ``max_distance``; 0 = exact dhash equality, which already absorbs
    codec noise at the frame level); votes aggregate per video pair as
    DISTINCT matched frame indices per side, and the pair survives when
    ``greatest(matched_a/n_a, matched_b/n_b) ≥ min_overlap`` — the MAX
    containment, so a clip cut from a longer video still pairs (its own
    side's containment is high).  This is the same shape as MinHash LSH
    band voting, one level up: frame hashes are the "shingles" of a
    video.

    Scale: the join is per-frame band equi-join (never videos²), the
    vote is one partial-aggregable groupBy on (id_a, id_b); everything
    that shuffles is ids + 8-byte hashes.  Frame counts ride along from
    ``n_col`` (constant per asset), so no second scan.
    """
    _check_band_args(bands, max_distance, bits)
    f = frame_hashes.select(
        F.col(id_col).alias("vid"), F.col(frame_col).alias("fidx"),
        F.col(hash_col).alias(hash_col), F.col(n_col).alias("nf"),
    ).filter(F.col(hash_col).isNotNull() & F.col("fidx").isNotNull())
    f = f.withColumn("id", F.concat_ws("#", "vid", "fidx"))
    entries = _band_entries(f.select("id", hash_col), "id", hash_col,
                            bands, bits, max_bucket)
    # re-attach (vid, fidx, nf) — _band_entries keeps only (id, h, bands)
    entries = entries.join(f.select("id", "vid", "fidx", "nf"), "id")
    frame_pairs = (
        entries.alias("l").join(
            entries.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .filter(F.bit_count(F.expr("l.h ^ r.h")) <= max_distance)
        .select(F.col("l.vid").alias("id_a"), F.col("r.vid").alias("id_b"),
                F.col("l.fidx").alias("fa"), F.col("r.fidx").alias("fb"),
                F.col("l.nf").alias("n_a"), F.col("r.nf").alias("n_b"))
        .distinct()
    )
    votes = frame_pairs.groupBy("id_a", "id_b", "n_a", "n_b").agg(
        F.countDistinct("fa").cast("int").alias("matched_a"),
        F.countDistinct("fb").cast("int").alias("matched_b"),
    )
    overlap = F.greatest(
        F.col("matched_a") / F.col("n_a"),
        F.col("matched_b") / F.col("n_b"))
    return (
        votes.withColumn("overlap", overlap)
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", "matched_a", "matched_b",
                F.col("n_a").cast("int").alias("n_a"),
                F.col("n_b").cast("int").alias("n_b"), "overlap")
    )


def hamming_state_entries(hashes: DataFrame, id_col: str = "asset_id",
                          hash_col: str = "dhash", bands: int = 4,
                          bits: int = 64) -> DataFrame:
    """(id, h, band_key) rows with the (band_id, band_val) pair FOLDED
    into one integer join key (``band_id << band_bits | band_val``) —
    the persistable form of the banded index, bucketable on a single
    column.

    The (bands, bits) the keys were built with ride along as COLUMN
    METADATA on ``band_key`` (they survive saveAsTable → catalog read):
    a state written under different banding would join on incompatible
    keys — every lookup misses and every duplicate is silently admitted
    — so :func:`hamming_dedup_incremental` validates the metadata
    against its own arguments before joining (round-9 review)."""
    band_bits = bits // bands
    entries = _band_entries(hashes, id_col, hash_col, bands, bits, None)
    return entries.select(
        "id", "h",
        (F.col("band_id").cast("long") * (1 << band_bits)
         + F.col("band_val")).alias(
             "band_key",
             metadata={"hamming_bands": bands, "hamming_bits": bits}))


def write_hamming_state(hashes: DataFrame, name: str,
                        id_col: str = "asset_id", hash_col: str = "dhash",
                        bands: int = 4, bits: int = 64,
                        num_buckets: int = 64,
                        path: str | None = None) -> None:
    """Persist a kept corpus's banded Hamming index as a BUCKETED
    catalog table (``sources.bucketed.write_bucketed`` on ``band_key``).

    This is the pay-the-shuffle-once layout for continuous media
    ingestion: the corpus side of every future shard-vs-corpus band
    join is pre-partitioned on the join key, so only the (small) shard
    side shuffles — the 100 TB corpus's entries never move again.
    Read it back with ``sources.bucketed.read_bucketed`` and pass it to
    :func:`hamming_dedup_incremental` as ``corpus_entries``."""
    from llmxmapreduce_spark.sources.bucketed import write_bucketed
    entries = hamming_state_entries(hashes, id_col, hash_col, bands, bits)
    write_bucketed(entries, name, "band_key", num_buckets, path=path)


def hamming_dedup_incremental(
    new_assets: DataFrame,
    new_hashes: DataFrame,
    corpus_hashes: DataFrame | None = None,
    id_col: str = "asset_id",
    hash_col: str = "dhash",
    bands: int = 4,
    max_distance: int = 3,
    bits: int = 64,
    max_bucket: int | None = 100_000,
    corpus_entries: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW media shard against the already-kept corpus AND
    within itself; returns the surviving ``new_assets`` rows — the
    ingestion mirror of ``dedup.minhash_dedup_incremental``.

    ``corpus_hashes`` is the persisted admission state: (id, hash)
    computed ONCE when each asset was admitted (the crawl-state
    bookkeeping pattern) — at 100 TB the corpus contributes only its
    8-byte hashes to the band join, so per-shard cost scales with the
    SHARD, never corpus².  A new asset is dropped if it lands within
    ``max_distance`` of any corpus asset, or loses its within-shard
    cluster (connected components, min-id canonical — the same
    transitivity as the batch path).  Undecodable new assets (null
    hash) pass through: decode failure is a curation decision, not a
    dedup one.

    ``corpus_entries`` (instead of ``corpus_hashes``): a PRE-BANDED
    persisted index in the :func:`hamming_state_entries` shape —
    typically ``read_bucketed(spark, name)`` of a
    :func:`write_hamming_state` table.  The shard side then joins on
    the single ``band_key`` the state is bucketed on, so the corpus
    side contributes NO Exchange: only the shard shuffles
    (plan-pinned in tests).  Exactly one of the two corpus arguments
    must be provided.
    """
    _check_band_args(bands, max_distance, bits)
    if (corpus_hashes is None) == (corpus_entries is None):
        raise ValueError(
            "provide exactly one of corpus_hashes / corpus_entries")
    if corpus_entries is not None:
        meta = corpus_entries.schema["band_key"].metadata or {}
        if "hamming_bands" in meta and (
                meta.get("hamming_bands") != bands
                or meta.get("hamming_bits") != bits):
            raise ValueError(
                f"corpus_entries was banded with bands="
                f"{meta.get('hamming_bands')}, "
                f"bits={meta.get('hamming_bits')} "
                f"but this call uses bands={bands}, bits={bits} — the "
                f"band keys would never match and every corpus "
                f"duplicate would be silently admitted; re-run "
                f"write_hamming_state or pass matching arguments")
        ne = hamming_state_entries(new_hashes, id_col, hash_col,
                                   bands, bits)
        ce = corpus_entries
        if max_bucket is not None:
            ce = (ce.withColumn(
                "__bn",
                F.count("*").over(Window.partitionBy("band_key")))
                .filter(F.col("__bn") <= max_bucket).drop("__bn"))
        join_cond = (F.col("l.band_key") == F.col("r.band_key"))
    else:
        ne = _band_entries(new_hashes, id_col, hash_col, bands, bits,
                           max_bucket)
        ce = _band_entries(corpus_hashes, id_col, hash_col, bands, bits,
                           max_bucket)
        join_cond = ((F.col("l.band_id") == F.col("r.band_id"))
                     & (F.col("l.band_val") == F.col("r.band_val")))
    vs_corpus = (
        ne.alias("l").join(ce.alias("r"), join_cond)
        .filter(F.bit_count(F.expr("l.h ^ r.h")) <= max_distance)
        .select(F.col("l.id").alias(id_col))
        .distinct()
    )
    within = hamming_neardup_pairs(
        new_hashes, id_col=id_col, hash_col=hash_col, bands=bands,
        max_distance=max_distance, bits=bits, max_bucket=max_bucket)
    comp = components.connected_components(within)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col))
    drop = vs_corpus.unionByName(losers).distinct()
    return new_assets.join(drop, id_col, "left_anti")

"""Multimodal column operators (scale extension): image/audio/video as
opaque ``binary`` payloads + typed metadata (asset_id, doc_id, media_type,
payload, width, height, duration_ms, codec).

The container has no image/audio *libraries*, so the default decode step
is stubbed behind ``NotImplementedError`` with a deterministic fake for
tests — but everything Spark-side is real and tested: schema, Arrow
batch shape, ``mapInPandas`` signatures, partition sizing, and the
metadata pipeline.  Three real formats round-trip in-container via
stdlib(+numpy)-only codecs: PNG (``functions/png.py`` — inject
``png.png_decoder`` / ``png.png_resizer``; tests/test_png_codec.py runs
decode → resize → re-encode end-to-end), JPEG (``functions/jpeg.py``
— T.81 sequential AND progressive decode, sequential + progressive
encode, 4:4:4/4:2:0, restart markers; inject ``jpeg.jpeg_decoder`` /
``jpeg.jpeg_resizer``; tests/test_jpeg_codec.py), and WAV/PCM audio
(``functions/wav.py`` — inject ``wav.wav_decoder`` +
``wav.wav_featurizer`` for real RMS/ZCR/envelope descriptors;
tests/test_wav_codec.py).  MP4 metadata probing is also real
(``functions/mp4.py`` + :func:`probe_media`); compressed audio and
video FRAME decode still need ffmpeg-class libraries injected in a
real deployment.

Design for 100 TB of media:
- payloads never leave the executor (no collect; feature vectors are the
  only thing that shuffles);
- ``mapInPandas`` over size-capped partitions (``repartition`` by asset id
  so one giant video can't skew a task);
- decoded frames are processed per Arrow batch and dropped — only features
  (fixed-width arrays) survive.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURES = T.StructType([
    T.StructField("asset_id", T.StringType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
    T.StructField("decode_ok", T.BooleanType(), False),
    T.StructField("decode_error", T.StringType(), True),
])


def decode_image(payload: bytes) -> "object":
    """General-format decode would use PIL/libvips — not available in
    this container.  STUB: raises; ``extract_features`` catches and
    falls back to the deterministic byte-level featurizer so the
    pipeline shape is testable.  For PNG and baseline JPEG, REAL
    decoders exist in-container: ``functions.png.png_decoder`` and
    ``functions.jpeg.jpeg_decoder`` — inject via
    ``extract_features(decoder=...)``."""
    raise NotImplementedError(
        "general image codecs are not installed in this environment; "
        "inject a decoder (functions.png.png_decoder handles PNG, "
        "functions.jpeg.jpeg_decoder baseline JPEG) or rely on "
        "byte-level features"
    )


def byte_histogram_feature(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic fake featurizer: bucketed byte histogram, L1-normalized.
    Stands in for an embedding model; same signature and batch shape."""
    if not payload:
        return [0.0] * dim
    counts = [0] * dim
    for b in payload:
        counts[b % dim] += 1
    total = float(len(payload))
    return [c / total for c in counts]


def extract_features(assets: DataFrame, dim: int = 16,
                     decoder=decode_image, featurizer=None) -> DataFrame:
    """Media asset rows → per-asset feature rows via ``mapInPandas``.

    Decode failures follow the D8 error-sentinel contract: the row flows on
    with ``decode_ok=false`` + the byte-level fallback feature.

    ``featurizer``: optional ``decoded_object -> list[float]`` applied to
    the decoder's result when decode SUCCEEDS (e.g.
    ``functions.wav.wav_featurizer`` for real audio descriptors, or an
    embedding model in a real deployment); failed rows keep the
    byte-level fallback so the feature column is never null.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                payload = r["payload"] or b""
                ok, err = True, None
                feat = None
                try:
                    decoded = decoder(payload)
                    if featurizer is not None:
                        feat = [float(x) for x in featurizer(decoded)]
                except NotImplementedError as e:
                    ok, err = False, f"decode stub: {e}"
                except Exception as e:  # noqa: BLE001
                    ok, err = False, f"{type(e).__name__}: {e}"
                rows.append({
                    "asset_id": r["asset_id"],
                    "media_type": r["media_type"],
                    "n_bytes": len(payload),
                    "feature": (feat if feat is not None
                                else byte_histogram_feature(payload, dim)),
                    "decode_ok": ok,
                    "decode_error": err,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURES.fields])

    return assets.mapInPandas(run, schema=FEATURES)


def media_prober(payload: bytes) -> dict:
    """Universal metadata probe: dispatch on magic bytes to the
    in-container format probes — JPEG/PNG (width/height/channels), WAV
    incl. G.711 (duration/rate/codec), MP4/ISO BMFF (tracks/duration/
    codec).  Raises ValueError on anything unrecognized (probe_ok=false
    sentinel).  Pass as ``probe_media(prober=media_prober,
    media_types=("image","audio","video"))`` to backfill metadata for
    every asset class in one pass."""
    b = bytes(payload)
    if b[:2] == b"\xff\xd8":
        from llmxmapreduce_spark.functions.jpeg import probe_jpeg
        return probe_jpeg(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        from llmxmapreduce_spark.functions.png import probe_png
        return probe_png(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        from llmxmapreduce_spark.functions.wav import probe_wav
        return probe_wav(b)
    from llmxmapreduce_spark.functions.mp4 import probe_mp4
    return probe_mp4(b)


def probe_media(assets: DataFrame,
                prober=None,
                media_types: tuple[str, ...] = ("video",)) -> DataFrame:
    """Backfill width/height/duration_ms/codec metadata FROM THE
    PAYLOAD BYTES for assets whose catalog metadata is missing — the
    step that makes :func:`frame_sample_plan` and metadata gates
    (duration/resolution/codec filters) runnable on a raw crawl where
    nothing upstream supplied the columns.

    ``prober``: ``payload -> dict`` with any of ``width, height,
    duration_ms, codec, tracks`` (a ``functions.mp4.probe_mp4``-shaped
    dict also works: the first ``vide`` track supplies width/height/
    codec, the movie header the duration).  Defaults to the in-container
    MP4/ISO-BMFF box walker.  Existing non-null metadata is NEVER
    overwritten (the catalog outranks the probe); rows outside
    ``media_types`` pass through untouched; probe failures keep the row
    with ``probe_ok=false`` + the error string (D8 sentinel convention —
    quarantine is the caller's filter, not silent loss).  Payload bytes
    never leave the executor; the output partitioning is the input's."""
    if prober is None:
        from llmxmapreduce_spark.functions.mp4 import mp4_prober
        prober = mp4_prober

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in assets.schema.fields) + ", probe_ok boolean, probe_error string"
    mt = set(media_types)

    def flat(meta: dict) -> dict:
        out = {k: meta.get(k) for k in ("width", "height", "duration_ms",
                                        "codec")}
        for tr in meta.get("tracks", []):
            if tr.get("handler") == "vide":
                out["width"] = out["width"] or tr.get("width")
                out["height"] = out["height"] or tr.get("height")
                out["codec"] = out["codec"] or tr.get("codec")
                break
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, errs = [], []
            for i in pdf.index:
                if pdf.at[i, "media_type"] not in mt or \
                        pdf.at[i, "payload"] is None:
                    oks.append(None)
                    errs.append(None)
                    continue
                try:
                    meta = flat(prober(bytes(pdf.at[i, "payload"])))
                    for col in ("width", "height", "duration_ms", "codec"):
                        if col in pdf.columns and pd.isna(pdf.at[i, col]) \
                                and meta.get(col) is not None:
                            pdf.at[i, col] = meta[col]
                    oks.append(True)
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — sentinel contract
                    oks.append(False)
                    errs.append(f"{type(e).__name__}: {e}"[:500])
            pdf = pdf.copy()
            pdf["probe_ok"] = pd.Series(oks, index=pdf.index, dtype="object")
            pdf["probe_error"] = pd.Series(errs, index=pdf.index,
                                           dtype="object")
            yield pdf

    return assets.mapInPandas(run, schema)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (asset, frame_ts) — the
    decode of each frame is the stubbed step, but the explode that fans a
    video into frame work-items (and the partitioning that keeps one video's
    frames together) is real."""
    n_frames = F.greatest(
        (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int"),
        F.lit(1),
    )
    keep = ["asset_id", "frame_idx", "frame_ts_ms"] + (
        ["codec"] if "codec" in assets.columns else []
    )
    return (
        assets.filter(F.col("media_type") == "video")
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
        .select(*keep)
        .repartition("asset_id")
    )


RESIZED = T.StructType([
    T.StructField("asset_id", T.StringType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("resize_ok", T.BooleanType(), False),
    T.StructField("resize_error", T.StringType(), True),
])


def strided_byte_thumbnail(payload: bytes, target_w: int,
                           target_h: int, src_w: int | None,
                           src_h: int | None) -> bytes:
    """Deterministic fake resizer: a strided byte sample of the payload
    sized ``target_w × target_h`` — stands in for a real downscale with
    the same output shape (bytes out, metadata updated)."""
    n_out = target_w * target_h
    if not payload:
        return b"\x00" * n_out
    if len(payload) <= n_out:
        return (payload * (n_out // len(payload) + 1))[:n_out]
    stride = len(payload) / n_out
    return bytes(payload[int(i * stride)] for i in range(n_out))


def resize_stub(payload: bytes, target_w: int, target_h: int) -> bytes:
    """General-format resize would decode (PIL/libvips), downscale,
    re-encode — not available in this container.  STUB: raises;
    ``resize_images`` catches and falls back to the deterministic fake
    thumbnail with a D8 sentinel, exactly like ``extract_features``'s
    decode handling.  For PNG a REAL resizer exists in-container:
    ``functions.png.png_resizer`` (decode → nearest-neighbor →
    re-encode) — inject it via ``resize_images(resizer=...)``."""
    raise NotImplementedError(
        "general image codecs are not installed in this environment; "
        "inject a resizer(payload, w, h) -> bytes "
        "(functions.png.png_resizer handles PNG)"
    )


def resize_images(assets: DataFrame, target_w: int = 64, target_h: int = 64,
                  resizer=resize_stub) -> DataFrame:
    """Image resize via ``mapInPandas`` — the decode→downscale→re-encode
    body is the stubbed step (no codecs in this container; D8
    error-sentinel rows, like ``extract_features``), the Spark plumbing is
    real: binary in/binary out per Arrow batch, metadata (width/height)
    rewritten to the target, payloads never shuffled beyond this stage's
    own narrow map.  An injected ``resizer(payload, w, h) -> bytes``
    supplies the real output bytes; on stub/failure the row carries the
    deterministic fake thumbnail with ``resize_ok=false``."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                payload = r["payload"] or b""
                ok, err = True, None
                try:
                    out_bytes = resizer(payload, target_w, target_h)
                except NotImplementedError as e:
                    ok, err = False, f"resize stub: {e}"
                except Exception as e:  # noqa: BLE001
                    ok, err = False, f"{type(e).__name__}: {e}"
                if not ok:
                    out_bytes = strided_byte_thumbnail(
                        payload, target_w, target_h,
                        r.get("width"), r.get("height"))
                rows.append({
                    "asset_id": r["asset_id"],
                    "media_type": r["media_type"],
                    "payload": out_bytes,
                    "width": target_w,
                    "height": target_h,
                    "resize_ok": ok,
                    "resize_error": err,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED.fields])

    return assets.filter(F.col("media_type") == "image") \
        .mapInPandas(run, schema=RESIZED)


RESAMPLED = T.StructType([
    T.StructField("asset_id", T.StringType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("resample_ok", T.BooleanType(), False),
    T.StructField("resample_error", T.StringType(), True),
])


def resample_stub(payload: bytes, target_rate: int) -> bytes:
    """Compressed-audio resampling would use ffmpeg/libsndfile — not in
    this container.  STUB: raises; a real WAV path exists in-container:
    ``functions.wav.wav_resampler`` (decode → linear interp → re-encode),
    injectable via ``resample_audio(resampler=...)``."""
    raise NotImplementedError(
        "general audio codecs are not installed in this environment; "
        "inject a resampler (functions.wav.wav_resampler handles PCM WAV)"
    )


def resample_audio(assets: DataFrame, target_rate: int = 16_000,
                   resampler=resample_stub) -> DataFrame:
    """Audio-rate normalization via ``mapInPandas`` — the audio mirror of
    :func:`resize_images` (training pipelines normalize every clip to one
    rate before feature extraction).  Same contracts: binary in/binary
    out per Arrow batch, D8 error-sentinel rows (failed rows keep the
    ORIGINAL payload — unlike images there is no meaningful fake resample
    — with ``resample_ok=false``), payloads never shuffle."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.to_dict("records"):
                payload = r["payload"] or b""
                ok, err = True, None
                out_bytes = payload
                try:
                    out_bytes = resampler(payload, target_rate)
                except NotImplementedError as e:
                    ok, err = False, f"resample stub: {e}"
                except Exception as e:  # noqa: BLE001
                    ok, err = False, f"{type(e).__name__}: {e}"
                rows.append({
                    "asset_id": r["asset_id"],
                    "media_type": r["media_type"],
                    "payload": out_bytes,
                    "sample_rate": target_rate if ok else None,
                    "duration_ms": r.get("duration_ms"),
                    "resample_ok": ok,
                    "resample_error": err,
                })
            yield pd.DataFrame(rows,
                               columns=[f.name for f in RESAMPLED.fields])

    return assets.filter(F.col("media_type") == "audio") \
        .mapInPandas(run, schema=RESAMPLED)


def media_stats(assets: DataFrame) -> DataFrame:
    """Typed-metadata rollup — pure column math over the struct columns."""
    return assets.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length(F.col("payload"))).alias("total_bytes"),
        F.avg(F.col("width") * F.col("height")).alias("avg_pixels"),
        F.sum(F.coalesce(F.col("duration_ms"), F.lit(0))).alias("total_duration_ms"),
    )


def checksum(assets: DataFrame) -> DataFrame:
    """Exact media dedup key: md5 over the binary payload, computed
    JVM-side (no Python)."""
    return assets.withColumn("payload_md5", F.md5(F.col("payload")))
